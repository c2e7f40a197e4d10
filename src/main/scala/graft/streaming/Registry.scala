package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import graft.operators.{Dedup, Fingerprints}

/** Bounded-state protocol for the incremental sinks' parquet registries.
  *
  * Without compaction every micro-batch adds a `batch=<id>` directory and
  * every trigger lists + unions ALL of them — at the reference's
  * continuous-ingestion posture (DimApp.java:23 / BaseLogApp.java:25 run
  * forever; a 10 s trigger is ~8,640 dirs/day per registry) the
  * per-trigger listing, parquet footer reads, and union-plan size grow
  * O(#batches) without bound. This object folds old batch dirs into one
  * snapshot per table and bounds every read to snapshot + `every`-ish
  * recent dirs.
  *
  * Layout (per registry GROUP — the set of sibling tables one sink writes
  * together each micro-batch, e.g. minhash's `bands` + `hashes`):
  *
  *  - `<table>/batch=<id>/`     — per-batch slice (overwrite-idempotent,
  *    _SUCCESS-gated), exactly as before;
  *  - `<table>/snapshot=<W>/`   — all rows of the jointly-committed batch
  *    dirs with id <= W, folded into one parquet dir;
  *  - `<groupBase>/_w=<W>`      — watermark MARKER (empty file; the NAME
  *    carries the value). The group watermark is the max over markers.
  *
  * Read protocol (`view`): serve `snapshot=<W>` plus the committed batch
  * dirs with id > W (own id excluded inside a sink body). Snapshot and
  * dirs are disjoint by construction, so every registered row is served
  * exactly once — multi-table sinks intersect the DIR id sets across
  * their tables exactly as before (snapshots need no intersection: a fold
  * only ever includes ids committed in EVERY table of the group).
  *
  * Retry/crash safety (foreachBatch is at-least-once):
  *  - a fold only covers ids < the CURRENT batch id, so a snapshot can
  *    never contain the running batch's own rows — the own-id-exclusion
  *    contract survives a crash-after-compaction retry;
  *  - the marker file is the commit point and is create-only (an atomic
  *    create — never a delete+rename window): a crash after writing
  *    snapshots but before the marker leaves the old watermark in force
  *    and the half-written snapshot invisible; the next fold recomputes a
  *    superset deterministically and overwrites;
  *  - cleanup runs AFTER the marker commit with one-cycle grace: batch
  *    dirs folded by the PREVIOUS watermark (and snapshots/markers older
  *    than it) are deleted, so a reader that listed its inputs just
  *    before the fold keeps every path it resolved for one full
  *    compaction interval.
  *
  * Contiguity assumption: micro-batches commit sequentially (batch N+1
  * only runs after N's foreachBatch succeeded), so at fold time every id
  * below the current batch is committed in all tables of the group. A
  * permanently half-committed id (abandoned stream) is never folded and
  * never served — the same "both tables committed" rule the dir readers
  * already apply.
  *
  * Sink protocol ([[sink]]): every `batch=<id>` sink in this package runs
  * its micro-batches through one scaffold — compaction, one Dedup cache
  * scope, and the overwrite of each output table's `batch=<id>` dir —
  * so a sink body only computes the frames to write. The overwrite is
  * what makes a foreachBatch retry idempotent (Structured Streaming's
  * exactly-once-by-batch-id sink, SIGMOD'18 §4).
  */
private[graft] object Registry {

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Format-version guard for registries whose ROW CONTENT contract can
    * change across engine versions — e.g. the minhash `hashes` arrays are
    * SORTED since the fused-verify change, and a registry written by the
    * pre-sort engine would silently produce wrong Jaccard values if the
    * two-pointer merge consumed it. On a new/empty group the marker
    * `_format=<format>` is created; on an existing group missing it the
    * sink fails LOUDLY telling the operator to rebuild, instead of
    * quietly mis-verifying. Cheap per-batch (one exists() once created). */
  def ensureFormat(spark: SparkSession, groupBase: String, format: String): Unit = {
    val base = new Path(groupBase)
    val fs = fsOf(spark, base)
    val marker = new Path(base, s"_format=$format")
    if (fs.exists(marker)) return
    val hasData = fs.exists(base) && fs.listStatus(base).exists { st =>
      !st.getPath.getName.startsWith("_format=")
    }
    if (hasData) {
      val found = fs.listStatus(base).map(_.getPath.getName)
        .filter(_.startsWith("_format=")).mkString(", ")
      throw new IllegalStateException(
        s"registry at $groupBase was written with a different row format " +
          s"(want _format=$format, found ${if (found.isEmpty) "none" else found}) — " +
          "its contents would verify incorrectly under the current engine; " +
          "rebuild the registry (delete the directory and replay/re-ingest)")
    }
    fs.mkdirs(base)
    fs.create(marker, true).close()
  }

  /** Group watermark: max W over `_w=<W>` marker files; None before the
    * first compaction. */
  def watermark(spark: SparkSession, groupBase: String): Option[Long] = {
    val base = new Path(groupBase)
    val fs = fsOf(spark, base)
    if (!fs.exists(base)) None
    else fs.listStatus(base).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_w="))
      .flatMap(n => scala.util.Try(n.stripPrefix("_w=").toLong).toOption)
      .maxOption
  }

  /** One table's read-set under the group watermark: the snapshot (if a
    * compaction has committed) plus the committed batch dirs above the
    * watermark, minus `excludeId`. */
  final case class View(snapshotPath: Option[String], dirIds: Seq[Long], table: String) {
    def isEmpty: Boolean = snapshotPath.isEmpty && dirIds.isEmpty
    def paths: Seq[String] = pathsFor(dirIds)
    /** Paths serving the snapshot plus exactly `ids` via dirs — multi-table
      * callers pass the intersection of their tables' dirIds. */
    def pathsFor(ids: Seq[Long]): Seq[String] =
      snapshotPath.toSeq ++ ids.map(id => s"$table/batch=$id")
  }

  def view(spark: SparkSession, groupBase: String, table: String,
      excludeId: Long = -1L): View = {
    val w = watermark(spark, groupBase)
    val ids = StreamingPipelines.completedBatches(spark, table)
      .filter(id => id != excludeId && w.forall(id > _))
    View(w.map(x => s"$table/snapshot=$x"), ids, table)
  }

  /** Fold the jointly-committed batch dirs in (watermark, upToExclusive)
    * of every table into per-table snapshots and advance the group
    * watermark — but only once at least `every` dirs are foldable, so
    * compaction cost amortizes over `every` batches. Returns true when a
    * fold ran. Call at the START of a sink body with
    * `upToExclusive = batchId`: folds never touch the running batch. */
  /** @param fold optional per-table post-union transform applied to the
    *   snapshot frame before it is written (default identity = plain
    *   row-union fold). Additive registries (e.g. sketch counters, whose
    *   state is (key → running sum)) pass an aggregation here so the
    *   snapshot re-collapses to one row per key — a union fold would
    *   carry every batch's partial rows forward and the snapshot would
    *   grow O(batches) instead of staying state-sized. The transform MUST
    *   be associative over re-folding (agg-of-agg == agg), which is
    *   exactly the mergeability contract (SketchSpec). */
  def maybeCompact(spark: SparkSession, groupBase: String, tables: Seq[String],
      upToExclusive: Long, every: Int,
      fold: Map[String, DataFrame => DataFrame] = Map.empty): Boolean = {
    require(every > 0, s"compactEvery must be positive, got $every")
    require(tables.nonEmpty, "registry group needs at least one table")
    val w = watermark(spark, groupBase)
    val committed = tables.map(t =>
      StreamingPipelines.completedBatches(spark, t)
        .filter(id => id < upToExclusive && w.forall(id > _)).toSet)
    val foldable = committed.reduce(_ intersect _).toSeq.sorted
    if (foldable.size < every) return false
    val wNew = foldable.max
    tables.foreach { t =>
      val in = w.map(x => s"$t/snapshot=$x").toSeq ++
        foldable.map(id => s"$t/batch=$id")
      fold.getOrElse(t, identity[DataFrame] _)(spark.read.parquet(in: _*))
        .write.mode("overwrite").parquet(s"$t/snapshot=$wNew")
    }
    // commit: atomic create of the new marker (the old one stays — the
    // watermark is the max, so there is no window with no marker at all)
    val marker = new Path(groupBase, s"_w=$wNew")
    fsOf(spark, marker).create(marker, true).close()
    // cleanup with one-cycle grace: everything at or below the PREVIOUS
    // watermark is covered by both the old and the new snapshot — safe to
    // drop now; dirs folded THIS cycle survive until the next one
    w.foreach { wOld =>
      tables.foreach { t =>
        val tp = new Path(t)
        val fs = fsOf(spark, tp)
        if (fs.exists(tp)) fs.listStatus(tp).foreach { st =>
          val n = st.getPath.getName
          val staleDir = n.startsWith("batch=") &&
            scala.util.Try(n.stripPrefix("batch=").toLong).toOption.exists(_ <= wOld)
          val staleSnap = n.startsWith("snapshot=") &&
            scala.util.Try(n.stripPrefix("snapshot=").toLong).toOption.exists(_ < wOld)
          if (staleDir || staleSnap) fs.delete(st.getPath, true)
        }
      }
      val bp = new Path(groupBase)
      val bfs = fsOf(spark, bp)
      if (bfs.exists(bp)) bfs.listStatus(bp).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("_w=") &&
            scala.util.Try(n.stripPrefix("_w=").toLong).toOption.exists(_ < wOld))
          bfs.delete(st.getPath, false)
      }
    }
    true
  }

  /** Keep only the newest `keep` committed `batch=<id>` dirs (used for
    * SELF-COMPLETE snapshot tables — winnowClusterSink's labels, where
    * every batch dir supersedes all earlier ones). Grace: keep >= 2 so a
    * reader that resolved the previous newest keeps its path. */
  def pruneKeepNewest(spark: SparkSession, path: String, keep: Int): Unit = {
    require(keep >= 2, s"keep must be >= 2 for reader grace, got $keep")
    val ids = StreamingPipelines.completedBatches(spark, path)
    val stale = ids.sorted.dropRight(keep)
    val base = new Path(path)
    val fs = fsOf(spark, base)
    stale.foreach(id => fs.delete(new Path(path, s"batch=$id"), true))
  }

  /** The value of the one `_<key>=<value>` marker under `groupBase` — a
    * setting every writer and reader of the registry must share (sketch
    * shape, ANN model): mixing rows written under two values would be
    * silent garbage, so a second value fails LOUD (the BucketedUpsert
    * layout-marker rule). With `want`, the marker must carry that value
    * ("<what> mismatch" otherwise), and `createIfAbsent` pins it on a
    * registry that has none; without `want` the marker is only read. */
  def marker(spark: SparkSession, groupBase: String, key: String, what: String,
      want: Option[String] = None, createIfAbsent: Boolean = false): String = {
    val base = new Path(groupBase)
    val fs = fsOf(spark, base)
    val prefix = s"_$key="
    val found =
      if (fs.exists(base))
        fs.listStatus(base).map(_.getPath.getName).filter(_.startsWith(prefix)).toSeq
      else Seq.empty
    (found, want) match {
      case (Seq(), Some(w)) if createIfAbsent =>
        fs.mkdirs(base)
        fs.create(new Path(base, prefix + w), true).close()
        w
      case (Seq(), _) =>
        throw new IllegalStateException(s"no $what marker under $groupBase")
      case (Seq(one), _) =>
        val got = one.stripPrefix(prefix)
        want.foreach(w => require(got == w,
          s"$what mismatch under $groupBase: registry was built with $one, " +
            s"caller holds $prefix$w — rebuild the registry for a new $what"))
        got
      case (many, _) =>
        throw new IllegalStateException(
          s"conflicting $what markers under $groupBase: ${many.mkString(", ")}")
    }
  }

  /** Every row committed to `table` (snapshot + committed batch dirs), or
    * an empty frame of `schema` before the first commit. */
  def read(spark: SparkSession, groupBase: String, table: String,
      schema: => StructType): DataFrame = {
    val v = view(spark, groupBase, table)
    if (v.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.parquet(v.paths: _*)
  }

  /** One registry group a sink folds (see [[maybeCompact]]): its base, its
    * tables, and an optional per-table fold. */
  final case class Group(base: String, tables: Seq[String],
      fold: Map[String, DataFrame => DataFrame] = Map.empty)

  object Group {
    /** A one-table group that is its own base. */
    def apply(table: String): Group = Group(table, Seq(table))
  }

  /** The micro-batch protocol of every `batch=<id>` sink. Per batch:
    *  1. fold each group below this batch id every `compactEvery` batches;
    *  2. open one Dedup tracking scope;
    *  3. run `body`, which returns the (table, frame) pairs to write and
    *     persists only through `Dedup.track`, so the scope owns its caches;
    *  4. overwrite each `table/batch=<id>` in the returned order (a retry
    *     rewrites the same dirs — idempotent; readers that serve only
    *     jointly-committed ids rely on the order, e.g. spans before meta);
    *  5. release the scope, also when the batch fails.
    * The raw batch is never persisted here: a body persists what it reads
    * more than once. */
  def sink(df: DataFrame, compactEvery: Int, groups: Group*)(
      body: (DataFrame, Long) => Seq[(String, DataFrame)]): DataStreamWriter[Row] =
    df.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        runBatch(batch.toDF(), batchId, compactEvery, groups)(body)
      }

  /** A `batch=<id>` sink with no registry group (steps 2–5 of [[sink]]). */
  def sink(df: DataFrame)(
      body: (DataFrame, Long) => Seq[(String, DataFrame)]): DataStreamWriter[Row] =
    sink(df, compactEvery = 1)(body)

  /** One micro-batch of [[sink]]. */
  private[graft] def runBatch(batch: DataFrame, batchId: Long, compactEvery: Int,
      groups: Seq[Group])(body: (DataFrame, Long) => Seq[(String, DataFrame)]): Unit = {
    val spark = batch.sparkSession
    groups.foreach(g => maybeCompact(spark, g.base, g.tables,
      upToExclusive = batchId, every = compactEvery, fold = g.fold))
    val mark = Dedup.trackMark(spark)
    try body(batch, batchId).foreach { case (table, out) =>
      out.write.mode("overwrite").parquet(s"$table/batch=$batchId")
    } finally { Dedup.releaseSince(spark, mark); () }
  }

  /** Cross-batch MinHash losers: the docs of this batch's shingle table
    * `sh` (and its `bands`) that Jaccard-verify >= Lsh.Threshold against
    * a doc of the `bands` + `hashes` registry under `registryPath` —
    * earlier batches only (own id excluded), dirs committed in BOTH
    * tables. Band buckets holding > Lsh.MaxBucket registry docs
    * (boilerplate) are left out, mirroring minhashLshPairs' in-batch cap.
    * Returns (doc_id). */
  def minhashProbe(spark: SparkSession, registryPath: String, batchId: Long,
      sh: DataFrame, bands: DataFrame): DataFrame = {
    val vb = view(spark, registryPath, s"$registryPath/bands", batchId)
    val vh = view(spark, registryPath, s"$registryPath/hashes", batchId)
    // dirs above the watermark still need the both-tables-committed
    // intersection; the snapshots are jointly consistent by fold
    val served = vb.dirIds.intersect(vh.dirIds)
    if (vb.snapshotPath.isEmpty && served.isEmpty) sh.select(col("doc_id")).limit(0)
    else {
      val regBands = Dedup.track(spark.read.parquet(vb.pathsFor(served): _*)
        .select(col("doc_id").as("doc_a"), col("b"), col("band_key")).persist())
      val hotKeys = regBands.groupBy(col("b"), col("band_key"))
        .agg(count(lit(1)).as("__bs")).filter(col("__bs") > Dedup.Lsh.MaxBucket)
        .select(col("b"), col("band_key"))
      val cand = bands.join(regBands, Seq("b", "band_key"))
        .join(hotKeys, Seq("b", "band_key"), "left_anti")
        .select(col("doc_a"), col("doc_id").as("doc_b")).distinct()
      val regHashes = spark.read.parquet(vh.pathsFor(served): _*)
        .select(col("doc_id").as("doc_a"), col("hashes").as("h_a"))
      Dedup.jaccardVerify(cand, regHashes,
          sh.select(col("doc_id").as("doc_b"), col("hashes").as("h_b")),
          Dedup.Lsh.Threshold)
        .select(col("doc_b").as("doc_id")).distinct()
    }
  }

  /** Hamming near-dup losers of this batch's fingerprints `fps` (doc_id,
    * `hashCol`): the later doc of each in-batch pair within `maxHamming`,
    * plus every doc within `maxHamming` of the one-table registry at
    * `registryPath` (earlier batches only, own id excluded). Both probes
    * are the recall-lossless banded joins of Fingerprints. Returns
    * (doc_id). */
  def hammingProbe(spark: SparkSession, registryPath: String, batchId: Long,
      fps: DataFrame, hashCol: String, maxHamming: Int): DataFrame = {
    val inBatch = Fingerprints.nearDupPairs(fps, hashCol, maxHamming)
      .select(col("doc_b").as("doc_id"))
    val v = view(spark, registryPath, registryPath, excludeId = batchId)
    val vsRegistry =
      if (v.isEmpty) fps.select(col("doc_id")).limit(0)
      else Fingerprints.hammingPairsAcross(fps,
          spark.read.parquet(v.paths: _*).select(col("doc_id"), col(hashCol)),
          hashCol, maxHamming)
        .select(col("doc_id"))
    inBatch.union(vsRegistry).distinct()
  }
}
