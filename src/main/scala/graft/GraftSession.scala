package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session configuration so Verify, Bench and the
  * test suites run identical settings.
  *
  * Scale notes (targets a 1000-executor cluster even though we test on
  * local[N]): AQE on (runtime coalescing + skew-join splitting), shuffle
  * partitions sized to cores locally (the cluster deployment would size to
  * 2-3× total cores), UTC session time so event-time logic is zone-explicit
  * (the reference hard-codes +8, DateFormatUtil.java:22 — we parameterize).
  */
object GraftSession {

  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new graft.plans.GraftExtensions) // SQL functions, optimizer rules
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // events.parquet has carried two physical types across testdata
    // generations: TIMESTAMP(NANOS), which Spark's reader only accepts as a
    // long (nanosAsLong, normalized in Tables.events), and
    // TIMESTAMP(MICROS, isAdjustedToUTC=false), which would otherwise
    // surface as TIMESTAMP_NTZ and break every TimestampType consumer —
    // inferTimestampNTZ=false reads it as plain TIMESTAMP (the session is
    // UTC, so the wall-clock values are identical to DuckDB's naive read).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.parquet.compression.codec", "snappy")
    // Round-15: force the serialized sort shuffle writer everywhere.
    // With R ≤ 200 reduce partitions and no map-side combine Spark picks
    // BypassMergeSortShuffleWriter, which opens R files PER MAP TASK and
    // then NIO-merges them — at local[32]/R=32 that is 1024 file opens +
    // a copyFileStreamNIO merge per shuffle, and thread dumps over
    // t_curate_media3 put DiskBlockObjectWriter.open/transferTo hottest
    // (bench A/B: media3 5.1→2.1 s, minhash 1.2→0.8, search 1.0→0.7,
    // total 14.6→11.3 s at sf0.1). The sort writer emits ONE file + index
    // per map task regardless of R. Scale note: on a real cluster R > 200
    // so the bypass path never fires and this setting is a no-op — it
    // only removes the small-R file-churn regime; parameterized for
    // deployments that want the bypass back on spinning disks.
    .config("spark.shuffle.sort.bypassMergeThreshold",
      sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "1"))
    // Round-15: small local split size. The driver test-SF parquets are
    // single-row-group (scan = one task regardless of split size; the
    // scale-adaptive SkewOps.spreadScan handles those), but the 10×/30×
    // replica fixtures carry 32 row groups, and the default 128 MB split
    // packed them into ~3 scan tasks — per-row work above the scan ran
    // 3-wide on local[32] and the Tables spread then paid a full-table
    // shuffle to fix it. An 8 MB local split lets those scans plan
    // row-group-wide (guide §2.5 input parallelism WITHOUT a shuffle);
    // production wants the OPPOSITE (512 MB–1 GB splits for large
    // sequential scans, guide §6) — parameterized for exactly that.
    .config("spark.sql.files.maxPartitionBytes",
      sys.env.getOrElse("SPARK_GRAFT_MAX_SPLIT_BYTES", "8m"))
    .config("spark.ui.enabled", "false")

  /** local[cores] session; cores defaults to SPARK_GRAFT_CPUS or 4. */
  def local(appName: String, cores: Option[String] = None): SparkSession = {
    val cpus = cores.getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
