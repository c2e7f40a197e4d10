package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.operators.Dedup

/** Structured-Streaming forms of the reference pipelines (SURVEY §2.9):
  * watermarked tumbling windows, and foreachBatch sinks replacing the
  * Kafka/ClickHouse/Phoenix writers (K1–K5).
  */
object StreamingPipelines {

  /** Dws02 twin: 10-minute tumbling event-time window by event_type with a
    * 2-second watermark (the reference's out-of-orderness bound,
    * Dws02...java:157,173). Exact UV is computed upstream by
    * StatefulOps.dailyFirstVisits — streaming append mode cannot
    * countDistinct inside the window, same reason the reference splits
    * UV-dedup from the window reduce. */
  def trafficWindow(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 seconds")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("pv_ct"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("event_type"), col("pv_ct"), col("sum_value"))

  /** J1 streaming form: watermarked stream-stream inner equi-join
    * (DwdTradeOrderDetail.java:161-163's order_detail ⋈ order_info under
    * Structured Streaming). Both sides carry event-time watermarks plus a
    * time-range condition so state is bounded — Spark drops join state
    * older than watermark + range, the same role as the blink planner's
    * state TTL. */
  def streamStreamJoin(
      left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String,
      condition: org.apache.spark.sql.Column,
      delay: String = "2 seconds"): DataFrame =
    left.withWatermark(leftTs, delay)
      .join(right.withWatermark(rightTs, delay), condition)

  /** J2 streaming form: watermark-range stream-stream LEFT OUTER join —
    * the reference's retraction-based streaming left join
    * (DwdTradeOrderDetail.java:164-167 emits +I/-D pairs as matches
    * arrive). Spark's model needs no retraction: a left row is held in
    * state and emitted null-extended ONLY once the watermark proves no
    * match can still arrive, so downstream sees exactly one final row per
    * outcome. Materialization composes with `upsertSink` (K3 latest-row
    * compaction) for the reference's MERGE-into-sink topology; the
    * stream≡batch equivalence is proven in StreamingSpec. */
  def streamStreamLeftJoin(
      left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String,
      condition: org.apache.spark.sql.Column,
      delay: String = "2 seconds"): DataFrame =
    left.withWatermark(leftTs, delay)
      .join(right.withWatermark(rightTs, delay), condition, "left_outer")

  /** K4 analog: append each micro-batch to parquet (stands in for the
    * ClickHouse JDBC batch sink — swap the body for df.write.jdbc).
    *
    * Delivery contract: AT-LEAST-ONCE, deliberately — a foreachBatch
    * retry appends the batch again, exactly like the reference's
    * non-transactional JDBC batch insert (its ClickHouse tables absorb
    * replays via ReplacingMergeTree-style dedup in the STORE). When the
    * store cannot dedup, use [[upsertSink]] (keyed latest-wins) or a
    * `batch=<id>`-dir sink (overwrite-idempotent) instead. */
  def parquetBatchSink(df: DataFrame, path: String): DataStreamWriter[Row] =
    df.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        batch.write.mode("append").parquet(path)
      }

  /** K3/K5 streaming upsert: maintain latest-row-per-key in a parquet
    * table via foreachBatch read→merge→swap (the Delta `MERGE INTO`
    * stand-in; with Delta on the cluster the body becomes one MERGE).
    * Write-to-temp-then-swap keeps the table readable mid-merge.
    *
    * Crash-safe across every window of the swap: a crash between
    * `delete(table)` and `rename(tmp, table)` leaves the table missing
    * but the temp dir COMPLETE (_SUCCESS) — the retry PROMOTES that temp
    * to the table first (one atomic rename; without it the retry would
    * rebuild the table from the one retried batch, silently dropping
    * every earlier key), then runs the normal merge, which is idempotent
    * (latest-per-key). Promotion-first also means the merge never reads
    * the dir it is about to overwrite. Paths resolve through their OWN
    * filesystem (hdfs://, s3a://, file:), and a failed rename is an
    * error, not a silent no-op. */
  def upsertSink(df: DataFrame, path: String, key: String, version: String): DataStreamWriter[Row] =
    df.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        val p = new org.apache.hadoop.fs.Path(path)
        val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def renameOrThrow(): Unit =
          if (!fs.rename(tmp, p))
            throw new java.io.IOException(
              s"upsertSink: rename $tmp -> $p failed; table left in temp (recoverable)")
        // Table missing + temp present: decide by whether the temp WRITE
        // COMPLETED. A completed write has part files and no _temporary
        // staging dir (the committer removes it at job commit — with or
        // without the _SUCCESS marker, so marksuccessfuljobs=false cloud
        // committers recover too); completed + table missing can only be
        // a crash between delete and rename, so PROMOTE — proceeding with
        // current = batch-only would silently drop every earlier key. An
        // INCOMPLETE temp (_temporary still present, or no part files)
        // next to a missing table can only be the FIRST-ever batch killed
        // mid-write (delete(table) runs strictly after a completed temp
        // write, so any crash mid-write leaves an existing table intact):
        // no committed data has ever existed — clear the debris and build
        // from the batch. Promoting an incomplete temp would instead
        // expose readers to a row-incomplete table.
        if (!fs.exists(p) && fs.exists(tmp)) {
          val entries = fs.listStatus(tmp).map(_.getPath.getName)
          val complete = !entries.contains("_temporary") &&
            entries.exists(n => n == "_SUCCESS" || n.endsWith(".parquet"))
          if (complete) renameOrThrow() // promote the completed swap
          else fs.delete(tmp, true) // first batch died mid-write: restart it
        }
        val current =
          if (fs.exists(p)) spark.read.parquet(path).unionByName(batch.toDF())
          else batch.toDF()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key)).orderBy(col(version).desc)
        val merged = current
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
        merged.write.mode("overwrite").parquet(tmp.toString)
        if (fs.exists(p)) fs.delete(p, true)
        renameOrThrow()
        ()
      }

  /** Incremental corpus dedup for continuous ingestion: a parquet
    * fingerprint REGISTRY (doc_id, fp — winnowing window-min hashes,
    * partitioned by batch id) accumulates every seen document's
    * fingerprints; each micro-batch drops documents sharing >= minShared
    * fingerprints with any earlier document (registry join, per-prior-doc
    * counts) or with an earlier-id document in the same batch
    * (Dedup.winnowPairs), writes survivors to `outPath`, and registers the
    * WHOLE batch's fingerprints (dropped docs too — a later near-dup of a
    * dropped doc must still be dropped, which is what makes the stream ≡
    * the batch drop-doc_b formulation; StreamingSpec proves it on an
    * id-ordered feed).
    *
    * Exactly-once under foreachBatch's at-least-once contract: both writes
    * overwrite a `batch=<id>` partition directory (idempotent on retry),
    * and the registry read EXCLUDES the current batch id — a half-written
    * previous attempt can neither self-match nor duplicate.
    *
    * Fingerprints that are ubiquitous in the REGISTRY (> maxBucket prior
    * docs — boilerplate) are excluded from matching, mirroring
    * winnowPairs' in-batch hot-bucket cap; the batch-vs-stream equivalence
    * is exact while every fingerprint stays under the cap (the spec's
    * regime), and both formulations degrade the same way past it.
    *
    * At scale the registry join shuffles on fp, exactly like winnowPairs'
    * candidate join; registry state grows with distinct fingerprints, not
    * events. */
  /** batch=<id> subdirs of `path` whose parquet commit FINISHED (the
    * _SUCCESS marker exists), ascending. A crashed write's partial dir
    * must never be served as a complete registry slice or snapshot. */
  private[streaming] def completedBatches(spark: SparkSession, path: String): Seq[Long] = {
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("batch=") &&
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .map(_.getName.stripPrefix("batch=").toLong).sorted
  }

  /** Cross-batch shared-fingerprint pairs for the winnow sinks: this
    * batch's exploded fingerprints vs the registry (earlier COMPLETED
    * batches only; own id excluded for retry safety), >= minShared shared
    * fingerprints per (old, new) doc pair, registry-ubiquitous fps
    * (> maxBucket prior docs — boilerplate) excluded. Returns
    * (old_doc, doc_id); its caches are tracked in the caller's Dedup
    * scope. */
  private def registryPairs(fps: DataFrame, registryPath: String, batchId: Long,
      minShared: Int, maxBucket: Int): DataFrame = {
    val spark = fps.sparkSession
    val v = Registry.view(spark, registryPath, registryPath, excludeId = batchId)
    if (v.isEmpty) fps.select(col("doc_id").as("old_doc"), col("doc_id")).limit(0)
    else {
      val reg = Dedup.track(spark.read.parquet(v.paths: _*)
        .select(col("doc_id").as("old_doc"), col("fp")).persist())
      val hotFps = reg.groupBy(col("fp"))
        .agg(count(lit(1)).as("__bs")).filter(col("__bs") > maxBucket)
        .select(col("fp"))
      Dedup.track(fps.join(reg, "fp")
        .join(hotFps, Seq("fp"), "left_anti")
        .groupBy(col("doc_id"), col("old_doc"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= minShared)
        .select(col("old_doc"), col("doc_id"))
        .persist())
    }
  }

  def winnowDedupSink(docs: DataFrame, registryPath: String, outPath: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      maxBucket: Int = 1000, compactEvery: Int = 16): DataStreamWriter[Row] =
    Registry.sink(docs, compactEvery, Registry.Group(registryPath)) { (batch, batchId) =>
      val b = Dedup.track(batch.persist())
      // materialize the fingerprint table BEFORE exploding — Generate
      // over the raw winnow chain re-evaluates it per output row
      // (see Dedup.winnowPairs); the same materialized table feeds the
      // registry write AND the in-batch pair generation (one scan)
      val bw = Dedup.track(Dedup.winnowTable(b, k, w).persist())
      val fps = Dedup.track(bw.select(col("doc_id"), explode(col("fps")).as("fp")).persist())
      val droppedByRegistry =
        registryPairs(fps, registryPath, batchId, minShared, maxBucket)
          .select(col("doc_id")).distinct()
      val droppedInBatch = Dedup.winnowPairsFromTable(bw, minShared, maxBucket)
        .select(col("doc_b").as("doc_id")).distinct()
      val kept = b.join(droppedByRegistry.union(droppedInBatch).distinct(),
        Seq("doc_id"), "left_anti")
      Seq(outPath -> kept, registryPath -> fps)
    }

  /** Incremental MinHash+LSH near-dup removal for continuous ingestion —
    * the streaming twin of Curate's DEFAULT near-dup policy
    * (Dedup.minhashLshPairs, drop-doc_b), completing policy parity with
    * the winnow/exact/cluster/span incremental sinks. A parquet registry
    * accumulates every seen document's LSH bands
    * (`<registry>/bands/batch=<id>`) and 32-bit shingle-hash arrays
    * (`<registry>/hashes/batch=<id>`); each micro-batch drops documents
    * that Jaccard-verify >= Lsh.Threshold against ANY earlier document
    * (band-key join into the registry, exact verify against the stored
    * hash arrays) or against an earlier-id document in the same batch
    * (the shared minhashLshPairs stages over one shingle scan), writes
    * survivors to `outPath`, and registers the WHOLE batch (dropped docs
    * too — a later near-dup of a dropped doc must still drop, the
    * property that makes the stream ≡ the batch drop-doc_b formulation on
    * an id-ordered feed; StreamingSpec proves it).
    *
    * Exactly-once under foreachBatch's at-least-once contract: all three
    * writes overwrite `batch=<id>` partition dirs (idempotent on retry),
    * registry reads exclude the current batch id and serve only
    * batches with BOTH tables committed (_SUCCESS), so a half-written
    * attempt can neither self-match nor go half-registered.
    *
    * The MinHash settings are batch curation's (Dedup.Lsh). Band buckets
    * that are ubiquitous in the REGISTRY (Registry.minhashProbe's cap)
    * are excluded from cross-batch matching, mirroring minhashLshPairs'
    * in-batch cap; equivalence is exact while buckets stay under the cap
    * (the spec's regime) and both formulations degrade the same way past
    * it.
    *
    * At scale: the cross-batch join shuffles on (b, band_key) — the same
    * key minhashLshPairs self-joins on — and the verify ships 4-byte hash
    * arrays only for banded candidates; registry state grows with seen
    * documents' bands (numBands rows/doc), not with pairs. */
  def minhashDedupSink(docs: DataFrame, registryPath: String, outPath: String,
      compactEvery: Int = 16): DataStreamWriter[Row] =
    // one joint (bands, hashes) fold: a snapshot only ever holds ids
    // committed in BOTH tables (Registry scaladoc)
    Registry.sink(docs, compactEvery, Registry.Group(registryPath,
        Seq(s"$registryPath/bands", s"$registryPath/hashes"))) { (batch, batchId) =>
      // refuse a registry whose hash arrays predate the sorted-array
      // contract (fused verify would silently mis-score)
      Registry.ensureFormat(batch.sparkSession, registryPath, "hashes-sorted-v2")
      val b = Dedup.track(batch.persist())
      // one shingle scan feeds in-batch pairs, cross-batch verify, AND
      // the registry write (persist before any explode/join fan-out)
      val sh = Dedup.track(Dedup.shingleSets(b).persist())
      val bands = Dedup.track(Dedup.bandsFromShingles(sh).persist())
      val inBatch = Dedup.minhashPairsFromTables(sh, bands,
          Dedup.Lsh.Threshold, Dedup.Lsh.MaxBucket)
        .select(col("doc_b").as("doc_id")).distinct()
      val crossLosers =
        Registry.minhashProbe(batch.sparkSession, registryPath, batchId, sh, bands)
      Seq(
        outPath -> b.join(inBatch.union(crossLosers).distinct(), Seq("doc_id"), "left_anti"),
        s"$registryPath/bands" -> bands,
        s"$registryPath/hashes" -> sh.select(col("doc_id"), col("hashes")))
    }

  /** Incremental transitive dup-clustering for continuous ingestion: the
    * cluster-keeper policy (Dedup.duplicateClusters) maintained across
    * micro-batches. Reuses winnowDedupSink's fingerprint registry for
    * candidate generation — each batch contributes its in-batch pairs
    * (Dedup.winnowPairs) plus registry-vs-batch pairs (shared-fingerprint
    * counts, same minShared/hot-fp cap) — and folds them into a LABELS
    * SNAPSHOT via Dedup.mergeClusters, so a batch that bridges two old
    * clusters relabels both. After batch n the snapshot equals
    * duplicateClusters(winnowPairs(all docs so far)) — StreamingSpec
    * proves the equivalence (cap regime, as winnowDedupSink).
    *
    * Exactly-once under foreachBatch's at-least-once contract: both the
    * registry write and the labels snapshot land in `batch=<id>`
    * directories (overwrite — idempotent on retry), the registry read
    * excludes the current batch id, and the labels read takes the newest
    * snapshot BELOW the current batch id — a half-written previous
    * attempt is invisible to its own retry.
    *
    * At scale: the registry join shuffles on fp; each fold's CC runs over
    * one row per clustered doc + this batch's pairs, not the historical
    * pair set. Label snapshots are pruned to the newest two each batch
    * (each is complete; two kept for reader grace), and the fingerprint
    * registry folds via Registry.maybeCompact like winnowDedupSink's. */
  def winnowClusterSink(docs: DataFrame, registryPath: String, labelsPath: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      maxBucket: Int = 1000, compactEvery: Int = 16): DataStreamWriter[Row] =
    // the fingerprint registry compacts like winnowDedupSink's
    Registry.sink(docs, compactEvery, Registry.Group(registryPath)) { (batch, batchId) =>
      val spark = batch.sparkSession
      // the labels table is SELF-COMPLETE per batch, so its compaction is
      // simply dropping superseded snapshots (newest 2 kept for reader grace)
      Registry.pruneKeepNewest(spark, labelsPath, keep = 2)
      val b = Dedup.track(batch.persist())
      // materialize before exploding — see Dedup.winnowPairs; the same
      // table feeds the registry write AND in-batch pairs (one scan)
      val bw = Dedup.track(Dedup.winnowTable(b, k, w).persist())
      val fps = Dedup.track(bw.select(col("doc_id"), explode(col("fps")).as("fp")).persist())
      val crossPairs =
        registryPairs(fps, registryPath, batchId, minShared, maxBucket)
          .select(col("old_doc").as("doc_a"), col("doc_id").as("doc_b"))
      val newPairs = Dedup.winnowPairsFromTable(bw, minShared, maxBucket)
        .select(col("doc_a"), col("doc_b"))
        .unionByName(crossPairs)
      // newest COMPLETE snapshot below this batch id (retry-safe: a
      // half-written previous attempt has no _SUCCESS and own-id dirs
      // are excluded by the < filter)
      val prior = completedBatches(spark, labelsPath).filter(_ < batchId)
        .lastOption.map(id => spark.read.parquet(s"$labelsPath/batch=$id"))
      val labels = prior match {
        case Some(old) => Dedup.mergeClusters(old, newPairs)
        case None      => Dedup.duplicateClusters(newPairs)
      }
      Seq(labelsPath -> labels, registryPath -> fps)
    }

  /** The newest COMMITTED cluster-labels snapshot winnowClusterSink has
    * written (each finished snapshot is complete; a crashed write's
    * partial dir carries no _SUCCESS and is skipped — it would otherwise
    * be served as a labeling silently missing cluster members); empty
    * (doc_id, cluster) frame if none exists yet. */
  def currentClusters(spark: SparkSession, labelsPath: String): DataFrame =
    completedBatches(spark, labelsPath).lastOption match {
      case Some(id) => spark.read.parquet(s"$labelsPath/batch=$id")
      case None =>
        import org.apache.spark.sql.types._
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(Seq(StructField("doc_id", LongType), StructField("cluster", LongType))))
    }

  /** Incremental sub-document (span) dedup for continuous ingestion: each
    * micro-batch appends its documents' positional span rows and per-doc
    * span counts to a parquet REGISTRY (both under `batch=<id>` dirs —
    * overwrite, so foreachBatch retries are idempotent; no cross-batch
    * read happens inside the sink at all). The registry IS the tokenized
    * corpus in span form, so `currentSpanDedup` below can rebuild every
    * document seen so far against the GLOBAL span counts without
    * re-tokenizing anything — and the view is retroactive by
    * construction: a span whose corpus-wide count crosses `maxOcc` in
    * batch N disappears from batch-1 documents too, exactly like the
    * batch operator run over the full corpus (StreamingSpec proves
    * stream ≡ batch across 3 batches). */
  /** @param cjk character-offset mode (Dedup.dedupSpans cjk): the
    *   registry stores the doc's cjk CHUNK rows (span identity + [cs,
    *   ce) codepoint extent) plus lower_root(text) in the meta table, so
    *   [[currentSpanDedup]] can re-excise retroactively without
    *   re-tokenizing. The two modes write format-incompatible rows, so
    *   the registry carries a mode marker (Registry.ensureFormat) and a
    *   sink of the other mode refuses an existing registry LOUDLY. */
  def spanDedupSink(docs: DataFrame, spanPath: String, k: Int = 8,
      compactEvery: Int = 16, cjk: Boolean = false): DataStreamWriter[Row] =
    // joint fold of (spans, meta) — currentSpanDedup's read-set stays
    // bounded at snapshot + ~compactEvery dirs per table
    Registry.sink(docs, compactEvery, Registry.Group(spanPath,
        Seq(s"$spanPath/spans", s"$spanPath/meta"))) { (batch, _) =>
      Registry.ensureFormat(batch.sparkSession, spanPath,
        if (cjk) "cjk-chunks-v1" else "latin-spans-v1")
      // spans before meta: currentSpanDedup serves only ids committed in both
      if (cjk) {
        // materialize before exploding — Generate re-inlines the
        // chunk construction chain otherwise (see Dedup.winnowPairs)
        val ct = Dedup.track(Dedup.chunkTableCjk(batch, k).persist())
        Seq(
          s"$spanPath/spans" -> ct.select(col("doc_id"), explode(col("chunks")).as("c"))
            .select(col("doc_id"), col("c.span").as("span"),
              col("c.cs").as("cs"), col("c.ce").as("ce")),
          s"$spanPath/meta" -> ct.select(col("doc_id"), col("lt"),
            size(col("chunks")).cast("long").as("n_spans")))
      } else {
        val st = Dedup.track(Dedup.spanTable(batch, k).persist())
        Seq(
          s"$spanPath/spans" -> st.select(col("doc_id"), explode(col("spans")).as("s"))
            .select(col("doc_id"), col("s.pos").as("pos"), col("s.span").as("span")),
          s"$spanPath/meta" -> st.select(col("doc_id"),
            size(col("spans")).cast("long").as("n_spans")))
      }
    }

  /** The retroactive span-dedup snapshot over everything spanDedupSink has
    * registered: same output contract as Dedup.dedupSpans over the
    * corpus-so-far (one row per seen doc). Only batches with BOTH tables
    * committed (_SUCCESS) are served — the sink writes spans before meta,
    * so a crash between the two cannot surface a half-registered batch.
    * At scale this reads span rows (not raw text), bans by one span-keyed
    * agg, and rebuilds with one doc-keyed shuffle — re-tokenization never
    * happens twice. */
  def currentSpanDedup(spark: SparkSession, spanPath: String, maxOcc: Int = 1,
      cjk: Boolean = false): DataFrame = {
    val vs = Registry.view(spark, spanPath, s"$spanPath/spans")
    val vm = Registry.view(spark, spanPath, s"$spanPath/meta")
    val served = vs.dirIds.intersect(vm.dirIds)
    if (vs.snapshotPath.isEmpty && served.isEmpty) {
      import org.apache.spark.sql.types._
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
          StructField("n_spans", LongType), StructField("n_kept", LongType))))
    } else if (cjk) {
      val chunks = spark.read.parquet(vs.pathsFor(served): _*)
        .select(col("doc_id"), col("span"), col("cs"), col("ce"))
      val meta = spark.read.parquet(vm.pathsFor(served): _*)
        .select(col("doc_id"), col("lt"), col("n_spans"))
      graft.operators.Dedup.finishChunksCjk(meta, chunks, maxOcc)
    } else {
      val spans = spark.read.parquet(vs.pathsFor(served): _*)
        .select(col("doc_id"), col("pos"), col("span"))
      val meta = spark.read.parquet(vm.pathsFor(served): _*)
        .select(col("doc_id"), col("n_spans"))
      graft.operators.Dedup.finishSpans(meta, spans, maxOcc)
    }
  }

  /** Kept-document view under the transitive cluster-keeper policy, derived
    * from the labels snapshot winnowClusterSink maintains: each cluster's
    * keeper is its label (the min doc_id — exactly Curate's clusterDedup
    * rule), every other clustered doc is dropped, unclustered docs pass
    * through. Retroactively correct by construction: when a later batch
    * bridges two clusters the snapshot relabels both, so this view
    * contracts to exactly what the batch pipeline
    * (duplicateClusters ∘ winnowPairs) would keep over the corpus-so-far —
    * StreamingSpec asserts the equivalence. At scale this is one
    * left_anti shuffle on doc_id against a labels table with one row per
    * CLUSTERED doc (tiny next to the corpus; broadcastable in practice). */
  def keeperView(docs: DataFrame, labelsPath: String): DataFrame = {
    val losers = currentClusters(docs.sparkSession, labelsPath)
      .filter(col("doc_id") =!= col("cluster")).select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Streaming benchmark decontamination for continuous ingestion: the
    * batch `contaminationBloom` gate as a sink. The benchmark's n-gram
    * Bloom filter is built ONCE at sink construction
    * (TextAnalysis.benchmarkBloom — eval suites are static) and broadcast
    * once; every micro-batch is scored MAP-SIDE against the same broadcast
    * (zero corpus shuffle, zero per-trigger filter re-shipping) and its
    * clean documents land in `outPath/batch=<id>` (overwrite — idempotent
    * under foreachBatch's at-least-once retry contract, like the other
    * incremental sinks here).
    *
    * Same guarantees as the batch gate: NO false negatives (a doc sharing
    * a gram with the benchmark is always dropped) and false POSITIVES
    * bounded by fpp per probed gram — conservative in the safe direction
    * for an eval-leak gate. Stream ≡ batch is exact, not probabilistic:
    * the keep decision is a pure per-row function of (doc text, filter),
    * so batching cannot change it (StreamingSpec asserts union-of-batches
    * == batch filtering). */
  def decontaminationSink(docs: DataFrame, benchmark: DataFrame, outPath: String,
      n: Int = 4, fpp: Double = 1e-6): DataStreamWriter[Row] = {
    val spark = benchmark.sparkSession
    val bf = graft.operators.TextAnalysis.benchmarkBloom(benchmark, n, fpp)
    val bfB = bf.map(spark.sparkContext.broadcast(_))
    Registry.sink(docs) { (batch, _) =>
      val b = Dedup.track(batch.persist())
      val contaminated = bfB match {
        case Some(broadcastFilter) =>
          graft.operators.TextAnalysis
            .bloomScoreBroadcast(b, broadcastFilter, n)
            .filter(col("n_bf_grams") > 0).select(col("doc_id"))
        case None => b.select(col("doc_id")).limit(0) // empty benchmark
      }
      Seq(outPath -> b.join(contaminated, Seq("doc_id"), "left_anti"))
    }
  }

  /** Streaming SURGICAL span decontamination: the batch
    * TextAnalysis.decontaminateSpans gate as a sink — latin token-rebuild
    * mode or the cjk character-offset mode (overlapping-bigram spans
    * union; see the operator's @param cjk). The benchmark is STATIC (its
    * gram table is re-derived per batch from the same tiny frame — AQE
    * broadcasts it), and excision is a pure per-row function of
    * (doc text, benchmark grams), so stream ≡ batch EXACTLY at any
    * batching — StreamingSpec asserts union-of-batches == the batch
    * operator, cjk mode included. Each batch's excised corpus lands
    * idempotently in `outPath/batch=<id>` (overwrite — the at-least-once
    * foreachBatch retry contract of the other incremental sinks here);
    * the operator's registry-tracked persists are released per batch by
    * the Registry.sink scope (a continuous stream must not accumulate
    * InMemoryRelations). */
  def spanExcisionSink(docs: DataFrame, benchmark: DataFrame, outPath: String,
      n: Int = 4, cjk: Boolean = false,
      preserveStructure: Boolean = false): DataStreamWriter[Row] =
    Registry.sink(docs) { (batch, _) =>
      Seq(outPath -> graft.operators.TextAnalysis
        .decontaminateSpans(batch, benchmark, n, cjk, preserveStructure))
    }

  /** Incremental IMAGE near-dup removal for continuous ingestion — the
    * streaming twin of Images.nearDupPairs (drop-doc_b), completing
    * modality parity with the text-side minhash/winnow/exact/span
    * incremental sinks. Input is a (doc_id, img binary) stream; each
    * micro-batch decodes its images ONCE (Images.imageStats — the real
    * ImageIO pass), drops documents whose perceptual hash lands within
    * `maxHamming` of ANY earlier-registered image (band-key join into
    * the (doc_id, ahash) registry — tiny rows, 16 bytes of state per
    * image ever seen) or of an earlier-id image in the same batch (the
    * shared banded pair join), writes survivors to
    * `outPath/batch=<id>`, and registers the WHOLE batch — dropped docs
    * too, so a later near-dup of a dropped image still drops (the
    * property that makes the stream ≡ the batch drop-doc_b formulation
    * on an id-ordered feed; StreamingSpec proves it on the synthesized
    * fixture).
    *
    * Exactly-once under foreachBatch's at-least-once contract: both
    * writes overwrite `batch=<id>` dirs (idempotent on retry), registry
    * reads exclude the current batch id (Registry.view), and the
    * snapshot fold compacts the read-set every `compactEvery` batches.
    * Banding stays recall-LOSSLESS (hamming ≤ 3 over 4×16-bit bands —
    * the same pigeonhole bound the batch operator enforces), so there
    * is no probabilistic drift between stream and batch. */
  def imageDedupSink(imgs: DataFrame, registryPath: String, outPath: String,
      maxHamming: Int = 3, compactEvery: Int = 16): DataStreamWriter[Row] =
    fingerprintDedupSink(imgs, registryPath, outPath, maxHamming, compactEvery,
      hashCol = "ahash",
      stats = (spark, b) => graft.operators.Images.imageStats(spark, b))

  /** Incremental AUDIO near-dup removal — the streaming twin of
    * Audio.nearDupPairs (drop-doc_b), same registry protocol as
    * [[imageDedupSink]] over the block-energy fingerprint: input is a
    * (doc_id, audio binary) stream; each micro-batch decodes its clips
    * ONCE (Audio.audioStats — the real javax.sound pass) and registers
    * (doc_id, afp) rows — 16 bytes of state per clip ever seen. Same
    * exactly-once + recall-lossless contract (see the shared sink). */
  def audioDedupSink(clips: DataFrame, registryPath: String, outPath: String,
      maxHamming: Int = 3, compactEvery: Int = 16): DataStreamWriter[Row] =
    fingerprintDedupSink(clips, registryPath, outPath, maxHamming, compactEvery,
      hashCol = "afp",
      stats = (spark, b) => graft.operators.Audio.audioStats(spark, b))

  /** Incremental MEDIA CURATION — the streaming twin of
    * pipeline/MediaCurate.curate, same labeled-frame contract and the
    * same [[graft.pipeline.MediaCurate.Gates]] value: per micro-batch
    * ONE decode (`g.profile`), the gates and their precedence through
    * MediaCurate.label, and near-dup among gate SURVIVORS against the
    * (doc_id, <g.hashCol>) survivor registry plus the in-batch banded
    * pair join. Only gate SURVIVORS register (matching the batch rule
    * that keepers are elected among survivors — a gate-dropped item
    * must never block a future near-dup), and dropped-by-dedup
    * survivors register too (a later near-dup of a dropped survivor
    * still drops, the imageDedupSink property). Writes the FULL labeled
    * frame per batch to `outPath/batch=<id>` (doc_id, drop_reason) —
    * stream ≡ batch on an id-ordered feed, pinned in StreamingSpec for
    * every modality. Same exactly-once posture as the dedup sinks
    * (idempotent batch=<id> overwrites, own-batch-excluded registry
    * reads, periodic compaction). */
  def mediaCurateSink(media: DataFrame, registryPath: String, outPath: String,
      g: graft.pipeline.MediaCurate.Gates,
      compactEvery: Int = 16): DataStreamWriter[Row] =
    Registry.sink(media, compactEvery, Registry.Group(registryPath)) { (batch, batchId) =>
      val spark = batch.sparkSession
      // the decode pass is the batch's only consumer and its output is
      // persisted, so the raw binaries are not
      val prof = Dedup.track(g.profile(spark, batch).persist())
      val (labeled, surv) = gatedLabelForBatch(spark, prof, registryPath, batchId, g)
      Seq(outPath -> labeled, registryPath -> surv)
    }

  /** One modality's gated labeled frame for one micro-batch — the body
    * shared by [[mediaCurateSink]] and the cross-modal
    * [[mediaCurate3Sink]]: near-dup among gate SURVIVORS against this
    * modality's survivor-only registry plus the in-batch banded pair
    * join, labeled by MediaCurate.label. `prof` must be persisted by
    * the caller; the survivor frame is persisted in the caller's Dedup
    * scope. Returns (labeled(doc_id, drop_reason), survivors-to-register). */
  private def gatedLabelForBatch(spark: SparkSession, prof: DataFrame,
      registryPath: String, batchId: Long,
      g: graft.pipeline.MediaCurate.Gates): (DataFrame, DataFrame) = {
    val surv = Dedup.track(prof.filter(g.survives)
      .select(col("doc_id"), col(g.hashCol)).persist())
    val dupped = Registry.hammingProbe(spark, registryPath, batchId,
        surv, g.hashCol, g.maxHamming)
      .withColumn("__dup", lit(1))
    val labeled = graft.pipeline.MediaCurate.label(
      prof.join(dupped, Seq("doc_id"), "left"), g, col("__dup").isNotNull)
    (labeled, surv)
  }

  /** Incremental THREE-modality curation — the streaming twin of
    * MediaCurate.curateMedia3 over a (doc_id, img, audio, video)
    * stream: each micro-batch runs all three gated chains at the
    * default gate values (each with its OWN survivor-only registry
    * under `registryRoot/<modality>`, the same protocol as
    * [[mediaCurateSink]]) and writes the cross-modal verdict frame per
    * batch through MediaCurate.verdict, ONE definition with the batch
    * pipeline. A doc absent from a modality's input entirely cannot
    * happen here (one row carries all three columns), so the verdict's
    * missing_modality arms are structurally unreachable in this sink —
    * they exist for the batch curateMedia3's separate-input shape. */
  def mediaCurate3Sink(media: DataFrame, registryRoot: String,
      outPath: String, compactEvery: Int = 16): DataStreamWriter[Row] = {
    import graft.pipeline.MediaCurate.{AudioGates, ImageGates, VideoGates}
    val arms = Seq(ImageGates(), AudioGates(), VideoGates())
      .map(g => g -> s"$registryRoot/${g.modality}")
    Registry.sink(media, compactEvery,
        arms.map { case (_, r) => Registry.Group(r) }: _*) { (batch, batchId) =>
      val spark = batch.sparkSession
      // three decode passes read the batch, so it is persisted
      val b = Dedup.track(batch.persist())
      val gated = arms.map { case (g, r) =>
        val prof = Dedup.track(
          g.profile(spark, b.select(col("doc_id"), col(g.input))).persist())
        val (lbl, surv) = gatedLabelForBatch(spark, prof, r, batchId, g)
        (g.modality -> lbl, r -> surv)
      }
      (outPath -> graft.pipeline.MediaCurate.verdict(gated.map(_._1))) +: gated.map(_._2)
    }
  }

  /** Incremental VIDEO near-dup removal — keyframe perceptual hashes
    * (decode ONLY frame 0 per video) through the same shared
    * fingerprint-registry protocol; default hamming 0 = exact keyframe
    * duplicates, codec-caveat-free (see Video.keyframeHashes). */
  def videoDedupSink(vids: DataFrame, registryPath: String, outPath: String,
      maxHamming: Int = 0, compactEvery: Int = 16): DataStreamWriter[Row] =
    fingerprintDedupSink(vids, registryPath, outPath, maxHamming, compactEvery,
      hashCol = "khash",
      stats = (spark, b) => graft.operators.Video.keyframeHashes(spark, b))

  /** Streaming EVAL-SET DECONTAMINATION — the streaming twin of
    * Fingerprints.decontaminate: filter a media stream against a
    * STATIC eval-set fingerprint frame (benchmark leakage never enters
    * the corpus). Per micro-batch: one decode pass (`stats`), then the
    * recall-lossless banded probe against the eval frame, labeled
    * (doc_id, <hashCol>, keep) written per batch. No registry and no
    * cross-batch state — the eval set is FIXED, so stream ≡ batch by
    * construction (pinned in StreamingSpec). The eval frame is hashes,
    * not binaries: the caller decodes the (small) eval set once, not
    * per batch. */
  def imageDecontaminateSink(imgs: DataFrame, evalHashes: DataFrame,
      outPath: String, maxHamming: Int = 3): DataStreamWriter[Row] =
    mediaDecontaminateSink(imgs, evalHashes, outPath, "ahash", maxHamming,
      (spark, b) => graft.operators.Images.imageStats(spark, b))

  def audioDecontaminateSink(clips: DataFrame, evalHashes: DataFrame,
      outPath: String, maxHamming: Int = 3): DataStreamWriter[Row] =
    mediaDecontaminateSink(clips, evalHashes, outPath, "afp", maxHamming,
      (spark, b) => graft.operators.Audio.audioStats(spark, b))

  def videoDecontaminateSink(vids: DataFrame, evalHashes: DataFrame,
      outPath: String, maxHamming: Int = 0): DataStreamWriter[Row] =
    mediaDecontaminateSink(vids, evalHashes, outPath, "khash", maxHamming,
      (spark, b) => graft.operators.Video.keyframeHashes(spark, b))

  private def mediaDecontaminateSink(media: DataFrame, evalHashes: DataFrame,
      outPath: String, hashCol: String, maxHamming: Int,
      stats: (SparkSession, DataFrame) => DataFrame): DataStreamWriter[Row] = {
    graft.operators.Fingerprints.requireLossless(maxHamming)
    // decontaminate persists its decoded input (the batch's only
    // consumer) in the sink's scope, released every micro-batch
    Registry.sink(media) { (batch, _) =>
      val hashes = stats(batch.sparkSession, batch).select(col("doc_id"), col(hashCol))
      Seq(outPath -> graft.operators.Fingerprints
        .decontaminate(hashes, evalHashes, hashCol, maxHamming))
    }
  }

  /** The shared fingerprint-registry dedup sink behind the image and
    * audio twins — ONE definition of the micro-batch protocol
    * (decode-once, in-batch banded pair join, registry band probe,
    * register the WHOLE batch including drops, idempotent batch=<id>
    * overwrites, periodic compaction), parametrized only by the
    * modality's decode pass and fingerprint column. The banding itself
    * is the shared [[graft.operators.Fingerprints]] machinery, so
    * stream ≡ batch by construction for every modality. */
  private def fingerprintDedupSink(media: DataFrame, registryPath: String,
      outPath: String, maxHamming: Int, compactEvery: Int, hashCol: String,
      stats: (SparkSession, DataFrame) => DataFrame): DataStreamWriter[Row] = {
    graft.operators.Fingerprints.requireLossless(maxHamming)
    Registry.sink(media, compactEvery, Registry.Group(registryPath)) { (batch, batchId) =>
      val spark = batch.sparkSession
      val b = Dedup.track(batch.persist())
      // decode once per media row: the same stats table feeds the
      // registry write, the in-batch pair join, and the registry probe
      val fps = Dedup.track(stats(spark, b).select(col("doc_id"), col(hashCol)).persist())
      val dropped = Registry.hammingProbe(spark, registryPath, batchId, fps, hashCol, maxHamming)
      Seq(outPath -> b.join(dropped, Seq("doc_id"), "left_anti"), registryPath -> fps)
    }
  }

  /** K2 analog: dynamic per-record routing — one pass, fanned out by the
    * `sink_table` column (partitioned write ≈ Kafka sink's per-row topic).
    *
    * Delivery contract: AT-LEAST-ONCE on a foreachBatch retry, matching
    * the reference's non-transactional Kafka producer (its consumers
    * dedup downstream). Exactly-once routing belongs to the consumer
    * side here too — e.g. feed the routed output into [[upsertSink]] /
    * `sinks.BucketedUpsert` keyed on the record id, which is exactly
    * what the K3/K5 pipelines do. */
  def routedSink(df: DataFrame, basePath: String): DataStreamWriter[Row] =
    df.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        batch.write.mode("append").partitionBy("sink_table").parquet(basePath)
      }

  /** Incremental count-min sketch: each micro-batch writes ITS OWN
    * depth×width counter table as `counters/batch=<id>`; the running
    * sketch is the element-wise SUM over snapshot + committed batch dirs
    * — exactly the mergeability contract SketchSpec proves, so
    * stream ≡ batch by construction at any batching. Compaction reuses
    * the registry fold protocol with a SUMMING transform (see
    * Registry.maybeCompact's `fold` param): the snapshot re-collapses to
    * ≤ depth·width rows every cycle, so registry state is model-sized
    * forever — a plain union fold would grow O(batches).
    *
    * The sketch shape is pinned by a `_shape=<depth>x<width>` marker on
    * first commit; a sink or reader with a different shape fails LOUD
    * (summing counters from different geometries would be silent
    * garbage — the BucketedUpsert layout-marker rule). */
  def sketchSink(obs: DataFrame, keyCol: String, registryPath: String,
      depth: Int = 4, width: Int = 4096,
      compactEvery: Int = 16): DataStreamWriter[Row] = {
    val counters = s"$registryPath/counters"
    Registry.sink(obs, compactEvery,
        Registry.Group(registryPath, Seq(counters), Map(counters -> (sumCounters _)))) {
      (batch, _) =>
        Registry.marker(batch.sparkSession, registryPath, "shape", "sketch shape",
          want = Some(s"${depth}x$width"), createIfAbsent = true)
        Seq(counters -> graft.operators.Sketches.countMinCounters(batch, col(keyCol), depth, width))
    }
  }

  private def sumCounters(df: DataFrame): DataFrame =
    df.groupBy(col("r"), col("bucket")).agg(sum(col("c")).as("c"))

  /** The running counter table (element-wise sum of snapshot + committed
    * batch dirs) — one row per touched (r, bucket). */
  def currentSketch(spark: SparkSession, registryPath: String): DataFrame = {
    import org.apache.spark.sql.types._
    sumCounters(Registry.read(spark, registryPath, s"$registryPath/counters", StructType(Seq(
      StructField("r", IntegerType), StructField("bucket", LongType),
      StructField("c", LongType)))))
  }

  /** Point estimates against the running sketch for the caller's
    * candidate keys (shape read from the pinned marker). */
  def currentEstimate(spark: SparkSession, registryPath: String,
      keys: DataFrame, keyCol: String): DataFrame = {
    val Array(depth, width) =
      Registry.marker(spark, registryPath, "shape", "sketch shape").split("x").map(_.toInt)
    graft.operators.Sketches.countMinEstimate(
      keys, col(keyCol), currentSketch(spark, registryPath), depth, width)
  }

  /** Continuous corpus onboarding: every micro-batch of incoming docs is
    * labeled against a STATIC curated reference (graft.operators.Dedup
    * .dedupAgainst semantics — exact fingerprint hit / banded+verified
    * near hit / kept) and the labels land in `outPath/batch=<id>` under
    * the registry protocol. The reference index is built ONCE at sink
    * construction and persisted (fingerprints, capped band table,
    * shingle arrays — Dedup.prepareReference), so micro-batches pay
    * map/join work only, never the reference scans. The decision is
    * per-doc against static state, so stream ≡ batch at ANY batching —
    * the union of batch labels equals one dedupAgainst over the union
    * of batches (OnboardingSpec). Within-stream duplicates are
    * deliberately NOT tracked here (that is minhashDedupSink /
    * CurateStream's job); this sink answers exactly one question per
    * doc: "is it already in the curated corpus?" */
  def onboardingSink(docs: DataFrame, reference: DataFrame, outPath: String,
      compactEvery: Int = 16): DataStreamWriter[Row] = {
    val ref = Dedup.prepareReference(reference)
    // materialize the index now: the first micro-batch should not absorb
    // the reference scans, and the persisted frames are shared by all
    ref.fpRef.count(); ref.bandsR.count(); ref.shR.count()
    // each batch's scope releases only THIS batch's per-doc caches; the
    // reference index frames belong to the caller's (earlier) scope
    Registry.sink(docs, compactEvery, Registry.Group(outPath)) { (batch, _) =>
      Seq(outPath -> Dedup.dedupAgainstIndex(Dedup.track(batch.persist()), ref))
    }
  }

  /** Every onboarding label so far (committed batches + snapshot). */
  def onboardedView(spark: SparkSession, outPath: String): DataFrame = {
    import org.apache.spark.sql.types._
    Registry.read(spark, outPath, outPath, StructType(Seq(
        StructField("doc_id", LongType), StructField("drop_reason", StringType))))
      .select(col("doc_id"), col("drop_reason"))
  }

  // ===== Continuous count-anomaly alarm =====

  /** Continuously-maintained (key, bucket) event counts on the registry
    * protocol — the state behind the LIVE traffic alarm
    * ([[currentCountAnomalies]]): each micro-batch contributes its OWN
    * partial counts (one batch-sized agg, never the accumulated stream)
    * and the fold/read re-aggregation SUMS them. Sum is associative and
    * commutative, so snapshot + dirs re-agg is exact and the alarm is
    * batching-independent BY CONSTRUCTION — the same argument as the
    * corpus-version digest, here for additive state. Re-delivered
    * batches overwrite their own dir (exactly-once); registry state
    * compacts to one row per live (key, bucket). */
  def countSink(events: DataFrame, registryPath: String,
      keyCol: String = "event_type", tsCol: String = "ts",
      granularity: String = "day", compactEvery: Int = 16): DataStreamWriter[Row] = {
    val counts = s"$registryPath/counts"
    Registry.sink(events, compactEvery,
        Registry.Group(registryPath, Seq(counts), Map(counts -> (sumCounts _)))) { (batch, _) =>
      Seq(counts -> graft.operators.Anomaly
        .bucketCounts(batch, col(keyCol), col(tsCol), granularity))
    }
  }

  /** The live count table: snapshot + committed dirs, summed per
    * (key, bucket) — read-time and fold-time use the same function, so
    * they cannot drift. */
  def currentCounts(spark: SparkSession, registryPath: String): DataFrame = {
    import org.apache.spark.sql.types._
    sumCounts(Registry.read(spark, registryPath, s"$registryPath/counts", StructType(Seq(
      StructField("key", StringType), StructField("bucket", TimestampType),
      StructField("c", LongType)))))
  }

  /** The live alarm: [[graft.operators.Anomaly.flagFromCounts]] over the
    * registry's count table — equals the batch `countAnomalies` of every
    * event ingested so far, at any batching and across fold boundaries
    * (AnomalySpec proves it). */
  def currentCountAnomalies(spark: SparkSession, registryPath: String,
      k: Int = 2): DataFrame =
    graft.operators.Anomaly.flagFromCounts(currentCounts(spark, registryPath), k)

  private def sumCounts(df: DataFrame): DataFrame =
    df.groupBy(col("key"), col("bucket")).agg(sum(col("c")).as("c"))

  // ===== Continuous ANN index (incremental IVF postings) =====

  /** Continuously-maintained IVF ANN index over an embedding stream: per
    * micro-batch, incoming vectors are assigned to a FROZEN centroid set
    * (one map-side `NearestCentroid` projection — zero exchanges, the
    * same codegen'd assign as batch `Ivf.index`) and the (vec_id, e, cid)
    * postings land in the registry protocol; a re-ingested vec_id
    * supersedes its earlier posting (last-write-wins upsert, the
    * "document re-embedded by a newer model run" shape). NULL embeddings
    * are dropped (no position in the space — the batch assign's
    * documented NULL rule).
    *
    * The model is frozen by design, like `lmBucketsFrozen`: a silently
    * retraining index would make served neighbors depend on batching.
    * The centroid set is collected ONCE at sink construction (k rows —
    * driver-tiny), rebuilt per batch from those literals (no lineage
    * replay), and fingerprinted into a create-only `_model=<hash>`
    * marker: a sink or reader holding different centroids fails LOUD
    * instead of mixing postings assigned under two models (the sketch
    * `_shape` / BucketedUpsert layout-marker rule). Retraining =
    * rebuild-from-source into a fresh registry, then switch readers.
    *
    * Scale: the per-batch work is one scan of the batch (assign is
    * exchange-free); compaction's fold collapses superseded postings so
    * the snapshot holds one row per live vec_id — registry state is
    * index-sized (it IS the index), never O(batches). Reads touch the
    * snapshot + ≤ `compactEvery`-ish recent dirs. */
  def ivfIndexSink(vectors: DataFrame, centroids: DataFrame, registryPath: String,
      compactEvery: Int = 16): DataStreamWriter[Row] = {
    val model = collectModel(centroids)
    require(model.nonEmpty, "ivfIndexSink needs a non-empty centroid set")
    val hash = modelHash(model)
    val postings = s"$registryPath/postings"
    Registry.sink(vectors, compactEvery,
        Registry.Group(registryPath, Seq(postings), Map(postings -> (latestPostings _)))) {
      (batch, batchId) =>
        val spark = batch.sparkSession
        requireModel(spark, registryPath, hash, createIfAbsent = true)
        Seq(postings -> graft.operators.Ivf.index(batch, modelFrame(spark, model))
          .filter(col("cid").isNotNull)
          .select(col("vec_id"), col("e"), col("cid").cast("long").as("cid"),
            lit(batchId).as("__b")))
    }
  }

  /** The live index: snapshot + committed batch dirs, collapsed to the
    * newest posting per vec_id — the same fold compaction applies, so
    * read-time and fold-time dedup cannot drift. */
  def currentIvfIndex(spark: SparkSession, registryPath: String): DataFrame = {
    import org.apache.spark.sql.types._
    latestPostings(Registry.read(spark, registryPath, s"$registryPath/postings",
      StructType(Seq(
        StructField("vec_id", LongType), StructField("e", ArrayType(DoubleType)),
        StructField("cid", LongType), StructField("__b", LongType))))).drop("__b")
  }

  /** Serve IVF top-k from the live index. The caller's centroids must be
    * THE model the registry was built under — checked against the pinned
    * marker, loud on mismatch. */
  def currentIvfTopK(spark: SparkSession, registryPath: String,
      centroids: DataFrame, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    requireModel(spark, registryPath, modelHash(collectModel(centroids)),
      createIfAbsent = false)
    graft.operators.Ivf.topK(
      currentIvfIndex(spark, registryPath).withColumn("cid",
        col("cid").cast(centroids.schema("cid").dataType)),
      centroids, queries, k, nprobe)
  }

  /** Newest posting per vec_id: argmax (__b, cid, e) — associative (max
    * of max), so re-folding a snapshot with later dirs is exact. */
  private def latestPostings(df: DataFrame): DataFrame =
    df.groupBy(col("vec_id"))
      .agg(max(struct(col("__b"), col("cid"), col("e"))).as("m"))
      .select(col("vec_id"), col("m").getField("e").as("e"),
        col("m").getField("cid").as("cid"), col("m").getField("__b").as("__b"))

  /** Continuous RESIDUAL-PQ index: the compressed-domain twin of
    * [[ivfIndexSink]]. Each micro-batch assigns its vectors to the FROZEN
    * coarse centroids, encodes the cell-centered residual against the
    * FROZEN per-block codebook ([[graft.operators.Pq.encodeResidual]]),
    * and writes (vec_id, cid, codes) postings — m small ints per vector
    * instead of dim doubles, the representation a 100 TB serving index
    * actually stores (raw embeddings stay in the corpus table and are
    * read only for the rerank·k finalists at query time). Same registry
    * contract as the IVF sink: last-write-wins per vec_id, batch-id
    * partition overwrite (idempotent retries), fold compaction, and a
    * create-only `_model=` marker that now covers BOTH models — a drifted
    * centroid set OR codebook fails loud instead of silently mixing code
    * spaces. */
  def pqIndexSink(vectors: DataFrame, centroids: DataFrame, codebook: DataFrame,
      registryPath: String, dim: Int, m: Int = 8,
      compactEvery: Int = 16): DataStreamWriter[Row] = {
    val cModel = collectModel(centroids)
    require(cModel.nonEmpty, "pqIndexSink needs a non-empty centroid set")
    val cbModel = collectCodebookModel(codebook)
    require(cbModel.nonEmpty, "pqIndexSink needs a non-empty codebook")
    val hash = pqModelHash(cModel, cbModel)
    val codes = s"$registryPath/codes"
    Registry.sink(vectors, compactEvery,
        Registry.Group(registryPath, Seq(codes), Map(codes -> (latestCodes _)))) {
      (batch, batchId) =>
        val spark = batch.sparkSession
        requireModel(spark, registryPath, hash, createIfAbsent = true)
        val idx = Dedup.track(graft.operators.Ivf.index(batch, modelFrame(spark, cModel))
          .filter(col("cid").isNotNull).persist())
        Seq(codes -> graft.operators.Pq
          .encodeResidual(idx, modelFrame(spark, cModel),
            codebookFrame(spark, cbModel), dim, m)
          .join(idx.select(col("vec_id"), col("cid").cast("long").as("cid")), "vec_id")
          .select(col("vec_id"), col("cid"), col("codes"), lit(batchId).as("__b")))
    }
  }

  /** The live compressed index: (vec_id, cid, codes), newest per vec_id. */
  def currentPqIndex(spark: SparkSession, registryPath: String): DataFrame = {
    import org.apache.spark.sql.types._
    latestCodes(Registry.read(spark, registryPath, s"$registryPath/codes",
      StructType(Seq(
        StructField("vec_id", LongType), StructField("cid", LongType),
        StructField("codes", ArrayType(IntegerType)), StructField("__b", LongType)))))
      .drop("__b")
  }

  /** Serve residual-IVF-PQ top-k from the live compressed index. The
    * caller's centroids AND codebook must be THE models the registry was
    * built under (pinned marker, loud on mismatch); `vectors` is the raw
    * corpus store, read only for the exact re-rank of the finalists. */
  def currentPqTopK(spark: SparkSession, registryPath: String,
      centroids: DataFrame, codebook: DataFrame, vectors: DataFrame,
      queries: DataFrame, dim: Int, k: Int, nprobe: Int, m: Int = 8,
      rerank: Int = 4): DataFrame = {
    requireModel(spark, registryPath,
      pqModelHash(collectModel(centroids), collectCodebookModel(codebook)),
      createIfAbsent = false)
    val idx = currentPqIndex(spark, registryPath)
      .withColumn("cid", col("cid").cast(centroids.schema("cid").dataType))
    graft.operators.Pq.ivfPqResidualTopK(
      idx.select(col("vec_id"), col("cid")), centroids,
      idx.select(col("vec_id"), col("codes")), codebook,
      vectors, queries, dim, k, nprobe, m, rerank)
  }

  /** Newest code row per vec_id — same associative argmax contract as
    * [[latestPostings]]. */
  private def latestCodes(df: DataFrame): DataFrame =
    df.groupBy(col("vec_id"))
      .agg(max(struct(col("__b"), col("cid"), col("codes"))).as("m"))
      .select(col("vec_id"), col("m").getField("cid").as("cid"),
        col("m").getField("codes").as("codes"), col("m").getField("__b").as("__b"))

  private def collectCodebookModel(codebook: DataFrame): Seq[(Long, Long, Seq[Double])] =
    codebook.select(col("b").cast("long"), col("cid").cast("long"), col("ce"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toVector)).toSeq
      .sortBy(t => (t._1, t._2))

  private def codebookFrame(spark: SparkSession,
      model: Seq[(Long, Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    model.toDF("b", "cid", "ce")
      .select(col("b").cast("int").as("b"), col("cid").cast("int").as("cid"), col("ce"))
  }

  private def pqModelHash(cModel: Seq[(Long, Seq[Double])],
      cbModel: Seq[(Long, Long, Seq[Double])]): String =
    modelHash(cModel) + "-" + modelHash(
      cbModel.map { case (b, cid, ce) => (b << 32 | cid, ce) })

  private def collectModel(centroids: DataFrame): Seq[(Long, Seq[Double])] =
    centroids.select(col("cid").cast("long"), col("ce")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toVector)).toSeq.sortBy(_._1)

  private def modelHash(model: Seq[(Long, Seq[Double])]): String = {
    val canon = model
      .map { case (cid, ce) => s"$cid:" + ce.map(_.toString).mkString(",") }
      .mkString(";")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def modelFrame(spark: SparkSession, model: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    model.toDF("cid", "ce")
  }

  /** The `_model=<hash>` marker guard of the ANN index registries. */
  private def requireModel(spark: SparkSession, registryPath: String,
      hash: String, createIfAbsent: Boolean): Unit = {
    Registry.marker(spark, registryPath, "model", "IVF model", Some(hash), createIfAbsent)
    ()
  }
}
